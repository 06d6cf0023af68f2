"""Sustained-load freshness soak with a mid-run restart (VERDICT r6 #5).

perfbench `stream_ingest` measures steady-state event→queryable
freshness; the reference's uptime/freshness SLOs (its README "~15 s
end-to-end", "99.9% uptime") are steady-state numbers too.  This probe
measures what neither does: the freshness COST OF A RECOVERY.  It runs
the full source→window→upsert path under continuous load for
``duration_s`` (default 600 s), hard-stops the streaming query ~40 % in
while the feeder keeps landing files (simulating a worker/job failure
with ingest continuing), restarts from the SAME checkpoint, and reports:

- freshness p50/p95/max for three phases: steady-state BEFORE the stop,
  the RECOVERY window (first 60 s after restart — includes the backlog
  drain), and steady-state AFTER;
- effectively-once proof across the restart: the final latest view must
  hold exactly one row per entity, and every row must equal a batch
  recompute of the same windowed aggregate over ALL landed files (the
  stream ≡ batch parity check from the T5/T11 suites) — any duplicate,
  lost, or double-counted event across the stop/restart boundary breaks
  the equality.

Usage: python tools/soak_probe.py [duration_s] [events_per_file]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F


def _pct(arr, q):
    import numpy as np

    return float(np.percentile(np.array(arr), q))


def main():
    duration_s = int(sys.argv[1]) if len(sys.argv) > 1 else 600
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    outage_s = 10.0
    recovery_window_s = 60.0

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_feature_store_spark.session import get_spark
    from streaming_feature_store_spark.streaming.pipeline import (
        read_file_stream,
    )
    from streaming_feature_store_spark.streaming.sinks import upsert_latest
    from streaming_feature_store_spark.streaming.watermarks import (
        WatermarkPolicy,
    )

    root = tempfile.mkdtemp(prefix="soak_probe_")
    src = os.path.join(root, "src")
    latest = os.path.join(root, "latest")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)

    spark = get_spark("soak-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
        ]
    )

    stop_feed = threading.Event()
    t0 = time.time()

    def feed():
        rng = np.random.default_rng(11)
        i = 0
        while not stop_feed.is_set() and time.time() - t0 < duration_s:
            now_us = int(time.time() * 1_000_000)
            tbl = pa.table(
                {
                    "event_id": pa.array(
                        range(i * per_file, (i + 1) * per_file), pa.int64()
                    ),
                    "user_id": pa.array(
                        rng.integers(0, 50, per_file), pa.int64()
                    ),
                    "ts": pa.array([now_us] * per_file, pa.timestamp("us")),
                    "value": pa.array(
                        rng.uniform(1, 100, per_file), pa.float64()
                    ),
                    "event_type": pa.array(["view"] * per_file),
                }
            )
            tmp = os.path.join(root, f"_tmp_{i}.parquet")
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(src, f"batch_{i:06d}.parquet"))
            i += 1
            time.sleep(1.0)

    samples: list[tuple[float, float]] = []  # (visible_wall_s, freshness_s)
    lock = threading.Lock()

    def make_query():
        events = read_file_stream(spark, src, schema, max_files_per_trigger=16)
        policy = WatermarkPolicy(max_out_of_orderness_s=2, allowed_lateness_s=0)
        feats = (
            policy.apply(events, "ts")
            .groupBy(
                F.col("user_id"),
                F.window("ts", "5 minutes", "1 minute").alias("w"),
            )
            .agg(
                F.count("*").alias("event_count"),
                # decimal accumulation: stream (incremental, arbitrary add
                # order across micro-batches) and batch (one pass) must be
                # bit-equal — double sums differ in the last ulp by order
                F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
                F.max(F.unix_micros("ts")).alias("last_event_us"),
            )
            .withColumn("window_start_s", F.col("w.start").cast("long"))
            .drop("w")
        )

        def sink(batch_df, batch_id):
            cached = batch_df.persist()
            try:
                if not upsert_latest(spark, cached, latest, ["user_id"]):
                    return
                visible = time.time()
                rows = cached.select("last_event_us").collect()
                with lock:
                    samples.extend(
                        (visible, visible - r["last_event_us"] / 1e6)
                        for r in rows
                    )
            finally:
                cached.unpersist()

        return (
            feats.writeStream.outputMode("update")
            .foreachBatch(sink)
            .queryName("soak_probe")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    feeder = threading.Thread(target=feed, daemon=True)
    feeder.start()

    q = make_query()
    stop_at = t0 + 0.4 * duration_s
    while time.time() < stop_at:
        time.sleep(1)
    # hard stop mid-load; the feeder keeps landing files during the outage
    q.stop()
    q.awaitTermination(30)
    t_stopped = time.time()
    time.sleep(outage_s)
    q = make_query()  # restart from the same checkpoint
    t_restarted = time.time()

    while time.time() - t0 < duration_s:
        time.sleep(1)
    stop_feed.set()
    feeder.join()
    # drain the backlog tail: wait until the source reports no pending
    # data for a few consecutive checks (bounded), so the final windows'
    # last increments are upserted before the stop
    quiet, deadline = 0, time.time() + 60
    while quiet < 3 and time.time() < deadline:
        time.sleep(2)
        quiet = 0 if q.status.get("isDataAvailable", True) else quiet + 1
    q.stop()
    q.awaitTermination(30)
    t_end = time.time()

    with lock:
        data = sorted(samples)
    assert data, "no freshness samples collected"
    pre = [f for (w, f) in data if w < t_stopped]
    rec = [
        f
        for (w, f) in data
        if t_restarted <= w < t_restarted + recovery_window_s
    ]
    post = [
        f for (w, f) in data if w >= t_restarted + recovery_window_s
    ]
    print(
        f"soak {duration_s}s, outage {outage_s:.0f}s at t+{stop_at - t0:.0f}s, "
        f"{len(data)} samples"
    )
    for name, xs in (("steady-pre", pre), ("recovery<60s", rec), ("steady-post", post)):
        if xs:
            print(
                f"  {name:12s} n={len(xs):6d}  p50 {_pct(xs, 50):6.2f}s  "
                f"p95 {_pct(xs, 95):6.2f}s  max {max(xs):6.2f}s"
            )
        else:
            print(f"  {name:12s} n=0")

    # effectively-once across the restart: latest view == batch recompute
    lv = spark.read.parquet(latest)
    n_entities = lv.select("user_id").distinct().count()
    n_rows = lv.count()
    dup_ok = n_rows == n_entities
    batch = (
        spark.read.schema(schema).parquet(src)
        .groupBy(
            F.col("user_id"),
            F.window("ts", "5 minutes", "1 minute").alias("w"),
        )
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("value_sum"),
            F.max(F.unix_micros("ts")).alias("last_event_us"),
        )
        .withColumn("window_start_s", F.col("w.start").cast("long"))
        .drop("w")
    )
    from pyspark.sql import Window

    wspec = Window.partitionBy("user_id").orderBy(F.desc("window_start_s"))
    expect = (
        batch.withColumn("_rn", F.row_number().over(wspec))
        .filter("_rn = 1")
        .drop("_rn")
    )
    cols = ["user_id", "window_start_s", "event_count", "value_sum", "last_event_us"]
    diff = (
        lv.select(cols).exceptAll(expect.select(cols)).count()
        + expect.select(cols).exceptAll(lv.select(cols)).count()
    )
    print(
        f"  effectively-once: latest rows={n_rows} entities={n_entities} "
        f"one-row-per-key={'OK' if dup_ok else 'FAIL'}; "
        f"stream-vs-batch diff rows={diff} "
        f"{'OK' if diff == 0 else 'FAIL'}"
    )
    print(
        f"  timeline: stop t+{t_stopped - t0:.1f}s restart t+{t_restarted - t0:.1f}s "
        f"end t+{t_end - t0:.1f}s"
    )
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    return 0 if (dup_ok and diff == 0) else 1


if __name__ == "__main__":
    raise SystemExit(main())

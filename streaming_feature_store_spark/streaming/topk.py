"""Streaming trending top-k — "what's hot right now" per time window.

The reference has no trending surface; this is the standard leaderboard
pipeline a feature store grows next: watermarked tumbling counts per
(window, key), finalized windows ranked to their top-k in the sink, each
window's result written exactly once.

Design (the part that holds at scale):

- **Append output mode**: a window's counts are emitted only when the
  watermark passes its end — so the micro-batch that carries a window
  carries ALL of that window's keys, and ranking inside the batch is
  complete (no cross-batch merge state needed in the sink). Update mode
  would stream partial counts and force the sink to keep its own count
  store.
- **Rank in foreachBatch**: the emitted batch is windows × keys (already
  aggregate-sized, not event-sized); one window-partitioned rank keeps k
  rows per window.
- **Dynamic partition overwrite by window**: a retried batch replaces its
  own windows' partitions instead of double-appending: the replace rule
  of the logs' ``sinks.write_batch`` (effectively-once, T5), keyed by
  window instead of by batch id, so the serving read for a window stays
  one partition scan.

Late data past the watermark is dropped by the aggregation (T1 policy);
the window that was already finalized is never reopened — the documented
two-tier path (streaming/stateful.py) exists when late corrections must
land.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from streaming_feature_store_spark.streaming.sinks import _start_stream


def trending_topk_stream(
    spark: SparkSession,
    events: DataFrame,
    out_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    window: str = "5 minutes",
    k: int = 3,
    delay: str = "10 minutes",
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the trending pipeline; returns the StreamingQuery.

    Output table at ``out_path``: (key, cnt, rank, window_start_s),
    hive-partitioned by window_start_s — the serving read for "top k keys
    in window W" is one partition scan.
    """
    counts = (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col(key_col),
            "cnt",
            F.col("w.start").cast("long").alias("window_start_s"),
        )
    )

    rank_w = Window.partitionBy("window_start_s").orderBy(
        F.desc("cnt"), F.col(key_col)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ranked = (
            batch_df.withColumn("rank", F.row_number().over(rank_w))
            .filter(F.col("rank") <= k)
        )
        writer = ranked.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        writer.partitionBy("window_start_s").parquet(out_path)

    return _start_stream(counts, sink, checkpoint, trigger_available_now)

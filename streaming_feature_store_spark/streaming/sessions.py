"""Streaming maintenance of the persisted session table — the foreachBatch
twin of ``operators/sessions.session_index_merge`` for the replay/backfill
shape (T11): event-time-ordered micro-batches (day-partitioned files under
``availableNow``, a compacted Kafka log, any daily ingest) fold into the
session snapshot without ever re-sessionizing history.

Spark's NATIVE streaming sessionization (``session_window`` in a streaming
aggregation, watermark-evicted state) remains the low-latency path — this
sink exists for the case where the session table must live as a PERSISTED,
queryable artifact maintained across job restarts and backfills, with the
same batch-id-versioned snapshot rule as the dedup indexes
(``streaming.dedup._snapshot_sink``): a retried batch re-reads its
pre-batch snapshot and overwrites its own output, so the path is
effectively-once without transactions.

The incremental contract (every indexed event before the batch's min ts)
is VALIDATED per batch by ``session_index_merge`` — an out-of-order batch
raises rather than silently corrupting the table; re-sessionize the
affected range offline in that case.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from streaming_feature_store_spark.streaming.dedup import _snapshot_sink


def session_index_sink(
    index_root: str,
    entity_col: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
):
    """``foreachBatch`` handler: merge each micro-batch of events into the
    persisted session table at ``index_root/v=<batch_id + 1>``.  The first
    batch seeds the snapshot with a plain ``sessionize``; later batches
    run ``session_index_merge`` with the batch's min event time as the
    cutoff (closed sessions pass through, the per-entity open session
    gap-merges with the batch).  Same-microsecond ties at the batch
    boundary (an event sharing the exact timestamp of the previous
    batch's last event) are tolerated by the merge contract — a tie
    gap-merges with gap 0, identical to a full recompute — so
    event-time-ordered input can never fail-stop the stream on a
    boundary tie.  Retry-idempotent via the shared batch-id-versioned
    snapshot rule."""
    from streaming_feature_store_spark.operators.sessions import (
        session_index_merge,
        sessionize,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        if prev is None:
            return sessionize(batch_df, entity_col, ts_col, gap)
        mn = batch_df.agg(
            F.min(F.unix_micros(F.col(ts_col))).alias("m")
        ).collect()[0]["m"]
        return session_index_merge(
            batch_df, prev, int(mn), entity_col, ts_col, gap
        )

    return _snapshot_sink(index_root, step)

"""Streaming twin of the q144 feature-service training read: the
stream-materialized feature views must feed the SAME chained point-in-time
joins and produce a training frame identical to the batch read over the
raw events — the online/offline parity the reference's feature store
exists to guarantee (feast/feature_utils.py:170-232).

Two views are materialized by a single file-stream job (foreachBatch),
each written through ``sinks.write_batch`` (one ``_batch=<id>`` partition
per micro-batch, which a replayed batch replaces — T5), and read with no
dedup:

- the event-grain raw-value view — the batch's feature rows;
- the daily-aggregate view — per-batch (user, day, n, v_sum) PARTIALS with
  decimal-exact sums, merged at read time, each day's row becoming
  available only at the FOLLOWING midnight (no leakage).

The batch twin derives both views directly from the full raw frame and
runs the identical ``asof_join`` chain.  Sets must match exactly — and a
replayed micro-batch must change nothing.
"""

import pytest
import datetime as dt
import os

import pyspark.sql.functions as F

from streaming_feature_store_spark.operators.asof import asof_join
from streaming_feature_store_spark.streaming.pipeline import read_file_stream
from streaming_feature_store_spark.streaming.sinks import write_batch
from tests.test_streaming import (
    BASE,
    SCHEMA,
    _log_rows,
    _replay_last_batch,
    _write_batch,
)


def _views_from(ev):
    """(labels, event-grain feature view) from a typed event frame — the
    exact q144 construction; the daily availability view comes from the
    separate ``_daily_view`` helper."""
    ev = ev.withColumn("us", F.unix_micros("ts"))
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "us", "event_id"
    )
    feat_a = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "us", "event_id", F.col("value").alias("fval")
    )
    return labels, feat_a


def _daily_view(daily):
    """(user, day, cnt, sum) → availability-stamped feature rows: a day's
    aggregate exists only from the following midnight."""
    return daily.select(
        "user_id",
        F.unix_micros(
            F.col("day").cast("timestamp") + F.expr("INTERVAL 1 DAY")
        ).alias("fus"),
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("event_id"),
        F.col("daily_cnt"),
        F.col("daily_sum").cast("double").alias("daily_sum"),
    )


def _training_read(labels, feat_a, feat_b):
    """q144's chained two-view PIT read."""
    r1 = asof_join(
        labels, feat_a, "user_id", "us", "us", ["fval"], [], "event_id"
    )
    labels2 = r1.select(
        "user_id",
        F.col("label_ts_us").alias("us"),
        F.col("label_key").alias("event_id"),
        F.col("asof_fval").alias("asof_value"),
    )
    return asof_join(
        labels2,
        feat_b,
        "user_id",
        "us",
        "fus",
        ["daily_cnt", "daily_sum"],
        ["asof_value"],
        "event_id",
    ).select(
        "user_id",
        "label_key",
        "label_ts_us",
        "asof_value",
        "asof_daily_cnt",
        "asof_daily_sum",
    )


@pytest.mark.slow
def test_streaming_feature_service_read_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    ev_log = str(tmp_path / "event_view")
    daily_log = str(tmp_path / "daily_partials")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # 3 micro-batches spanning 3 days; purchases interleaved with views so
    # labels exist on every day (first-day labels must get NULL daily
    # features — the availability rule under test).
    rows = []
    eid = 0
    for b in range(3):
        batch = []
        for i in range(60):
            day, hour = divmod((b * 60 + i) // 10, 12)
            batch.append(
                (
                    eid,
                    i % 7,
                    BASE + dt.timedelta(days=day, hours=hour * 2, minutes=i),
                    float((i * 13 + b * 5) % 97) / 4.0,
                    "purchase" if i % 5 == 0 else "view",
                )
            )
            eid += 1
        rows += batch
        _write_batch(spark, src, batch)

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        write_batch(batch_df, ev_log, batch_id)
        write_batch(
            batch_df.withColumn("day", F.to_date("ts"))
            .groupBy("user_id", "day")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("v_sum"),
            ),
            daily_log,
            batch_id,
        )

    def start():
        stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # availableNow guarantees termination; assert the bounded wait so a
    # loaded host fails as a clear timeout, not a partial-data mismatch
    assert start().awaitTermination(120), "stream did not drain within 120 s"

    def read_streamed():
        streamed_ev = spark.read.parquet(ev_log).drop("_batch")
        labels, feat_a = _views_from(streamed_ev)
        daily = (
            spark.read.parquet(daily_log)
            .groupBy("user_id", "day")
            .agg(
                F.sum("n").alias("daily_cnt"),
                F.sum("v_sum").alias("daily_sum"),
            )
        )
        return _training_read(labels, feat_a, _daily_view(daily))

    got = {tuple(r) for r in read_streamed().collect()}

    # batch twin straight off the raw frame
    raw = spark.createDataFrame(rows, SCHEMA)
    b_labels, b_feat_a = _views_from(raw)
    b_daily = (
        raw.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("daily_cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("daily_sum"),
        )
    )
    want = {
        tuple(r)
        for r in _training_read(b_labels, b_feat_a, _daily_view(b_daily))
        .collect()
    }

    assert got == want
    assert len(want) == sum(1 for r in rows if r[4] == "purchase")
    # day-1 labels see no daily features (availability = next midnight)
    first_day_nulls = [
        r for r in want if r[2] < int(
            (BASE + dt.timedelta(days=1)).timestamp() * 1_000_000
        )
    ]
    assert first_day_nulls and all(
        r[4] is None and r[5] is None for r in first_day_nulls
    )

    # replay the last micro-batch for real: both logs keep one partition
    # per batch with the same rows, and the read is unchanged
    daily_before = _log_rows(spark, daily_log)
    _replay_last_batch(spark, start, ckpt, ev_log)
    assert _log_rows(spark, daily_log) == daily_before
    assert {tuple(r) for r in read_streamed().collect()} == want

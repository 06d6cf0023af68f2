"""Structured-Streaming pipeline tests: file source → watermarked sliding
windows → foreachBatch (latest view + feature log); late-data drop across
restarts; type fidelity through the sink (FIXTURES.md §4.4 — the reference's
Redis sink stringified everything; ours must keep native types)."""

import pytest
import datetime as dt
import os

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from streaming_feature_store_spark.streaming import dedup, sessions
from streaming_feature_store_spark.streaming.pipeline import (
    read_file_stream,
    start_feature_pipeline,
)
from streaming_feature_store_spark.streaming.watermarks import WatermarkPolicy

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("event_type", StringType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run(spark, src, latest, log, ckpt):
    stream = read_file_stream(spark, src, SCHEMA)
    q = start_feature_pipeline(
        spark, stream, latest, log, entity_col="user_id", checkpoint=ckpt
    )
    q.awaitTermination(120)


def test_pipeline_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    latest = str(tmp_path / "latest")
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    _write_batch(
        spark,
        src,
        [
            (1, 7, BASE + dt.timedelta(seconds=1), 50.0, "view"),
            (2, 7, BASE + dt.timedelta(seconds=2), 150.0, "view"),
            (3, 8, BASE + dt.timedelta(seconds=3), 25.0, "view"),
        ],
    )
    _run(spark, src, latest, log, ckpt)

    lv = spark.read.parquet(latest)
    rows = {r["user_id"]: r for r in lv.collect()}
    assert set(rows) == {7, 8}
    # user 7's newest sliding window contains both events
    assert rows[7]["event_count"] == 2
    assert rows[7]["value_sum"] == 200.0
    # type fidelity through the sink (reference stringified; we must not)
    types = dict(lv.dtypes)
    assert types["value_sum"] == "double"
    assert types["event_count"] == "bigint"
    assert os.path.exists(log)

    # incremental batch: same user, later window → latest view advances
    _write_batch(
        spark,
        src,
        [(4, 7, BASE + dt.timedelta(minutes=30), 75.0, "view")],
    )
    _run(spark, src, latest, log, ckpt)
    rows2 = {r["user_id"]: r for r in spark.read.parquet(latest).collect()}
    assert rows2[7]["window_start_s"] > rows[7]["window_start_s"]
    assert rows2[7]["value_max"] == 75.0
    # user 8 untouched by the second batch — upsert preserved it
    assert rows2[8]["event_count"] == 1


def test_watermark_drops_very_late_events(spark, tmp_path):
    src = str(tmp_path / "src")
    latest = str(tmp_path / "latest")
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # batch 1 advances event time far ahead
    _write_batch(spark, src, [(1, 1, BASE + dt.timedelta(hours=2), 1.0, "view")])
    _run(spark, src, latest, log, ckpt)
    # batch 2: an event 2h older than max seen — far beyond the 65 s
    # combined watermark (T1+T2) → state for its window was finalized/evicted
    _write_batch(spark, src, [(2, 1, BASE, 99.0, "view")])
    _run(spark, src, latest, log, ckpt)

    rows = {r["user_id"]: r for r in spark.read.parquet(latest).collect()}
    # the late event must NOT have produced/updated a window in the latest view
    assert rows[1]["value_max"] == 1.0


def test_watermark_policy_composition():
    p = WatermarkPolicy(max_out_of_orderness_s=5, allowed_lateness_s=60)
    assert p.delay == "65 seconds"


def test_stream_dedup_drops_redelivered(spark, tmp_path):
    """At-least-once transport: the same event_id delivered twice must count
    once (streaming/dedup.py)."""
    from streaming_feature_store_spark.streaming.dedup import dedup_events

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    rows = [
        (1, 7, BASE + dt.timedelta(seconds=1), 50.0, "view"),
        (1, 7, BASE + dt.timedelta(seconds=1), 50.0, "view"),   # redelivery
        (2, 7, BASE + dt.timedelta(seconds=2), 25.0, "view"),
    ]
    _write_batch(spark, src, rows)
    stream = read_file_stream(spark, src, SCHEMA)
    deduped = dedup_events(stream, ["event_id"])
    q = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert got.filter(F.col("event_id") == 1).count() == 1


def test_file_stream_batch_lists_new_files_on_driver(spark, tmp_path):
    """A micro-batch of 40 new files resolves them on the driver: Spark
    lists more paths than its discovery threshold (default 32) in a job
    of one task per path, which the session's threshold rules out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    arrow_schema = pa.schema(
        [("event_id", pa.int64()), ("user_id", pa.int64()), ("ts", pa.timestamp("us", "UTC")),
         ("value", pa.float64()), ("event_type", pa.string())]
    )
    for i in range(40):
        row = [[i], [i % 7], [BASE + dt.timedelta(seconds=i)], [1.0], ["view"]]
        pq.write_table(pa.table(row, schema=arrow_schema), src / f"part-{i:03d}.parquet")
    q = (
        read_file_stream(spark, str(src), SCHEMA, max_files_per_trigger=None)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [40]
    # the query's jobs run under its run id as job group
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = []
    for j in sc.statusTracker().getJobIdsForGroup(str(q.runId)):
        d = store.job(j).description()
        descs.append(d.get() if d.isDefined() else "")
    assert descs
    assert not any(d.startswith("Listing leaf files") for d in descs), descs


def test_log_append_idempotent_per_batch(spark, tmp_path):
    """A retried micro-batch must REPLACE its log partition, not
    double-append (effectively-once, T5)."""
    from streaming_feature_store_spark.streaming.sinks import append_log

    path = str(tmp_path / "log")
    batch = spark.createDataFrame(
        [(7, 100.0, 1704067200)], "user_id long, value_sum double, window_start_s long"
    )
    append_log(batch, path, batch_id=5)
    append_log(batch, path, batch_id=5)  # simulated retry of the same batch
    assert spark.read.parquet(path).count() == 1
    append_log(batch, path, batch_id=6)  # a NEW batch does append
    assert spark.read.parquet(path).count() == 2


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """JVM-native streaming sessionization: session_window + watermark in
    append mode produces exactly the batch sessionize() result once the
    watermark closes every session — state lives in the JVM state store,
    no Python in the loop (the scale path; streaming/stateful.py is the
    per-event parity mode)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        # user 1: two sessions separated by > 30 min
        (1, 1, BASE, 1.0, "view"),
        (2, 1, BASE + dt.timedelta(minutes=10), 2.0, "click"),
        (3, 1, BASE + dt.timedelta(minutes=50), 3.0, "view"),
        # user 2: one session
        (4, 2, BASE + dt.timedelta(minutes=5), 4.0, "view"),
        # watermark pusher: far-future event closes all sessions above
        (5, 99, BASE + dt.timedelta(hours=6), 0.0, "view"),
    ]
    _write_batch(spark, src, rows)

    from streaming_feature_store_spark.operators.sessions import sessionize

    stream = read_file_stream(spark, src, SCHEMA).withWatermark("ts", "1 minute")
    sessions = (
        stream.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
        )
        .drop("sw")
    )
    out = str(tmp_path / "out")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start_us"]): r
        for r in spark.read.parquet(out).collect()
    }
    batch = spark.createDataFrame(rows, SCHEMA).filter(F.col("user_id") < 99)
    want = {
        (r["user_id"], r["session_start_us"]): r
        for r in sessionize(batch, "user_id", gap="30 minutes").collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["n_events"] == w["n_events"]
        assert got[k]["session_end_us"] == w["session_end_us"]


def test_streaming_multi_horizon_matches_batch(spark, tmp_path):
    """A10 streaming twin: the SAME tumbling-window aggregation expression,
    run as a file-stream query and as a batch query, produces identical
    per-(user, window) counts/sums for both the 5 m and 30 m horizons —
    one declarative plan, two execution modes. The batch side is then tied
    back to the oracled per-event frame: the test data places each user's
    events inside single aligned buckets separated by > 30 minutes, the
    regime where multi_horizon_counts' trailing cnt_5m/cnt_30m at a
    cluster's last event must equal the aligned bucket's count."""
    from streaming_feature_store_spark.operators.windows import (
        multi_horizon_counts,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        # user 1, cluster A: inside aligned [00:00, 00:05)
        (1, 1, BASE + dt.timedelta(minutes=1), 1.0, "view"),
        (2, 1, BASE + dt.timedelta(minutes=2), 2.0, "click"),
        (3, 1, BASE + dt.timedelta(minutes=4), 3.0, "view"),
        # user 1, cluster B: inside aligned [00:40, 00:45), > 30 m after A
        (4, 1, BASE + dt.timedelta(minutes=41), 4.0, "view"),
        (5, 1, BASE + dt.timedelta(minutes=43), 5.0, "purchase"),
        # user 2: one cluster inside [00:30, 00:35)
        (6, 2, BASE + dt.timedelta(minutes=31), 6.0, "view"),
        (7, 2, BASE + dt.timedelta(minutes=33), 7.0, "view"),
        # watermark pusher closes every window above
        (8, 99, BASE + dt.timedelta(hours=6), 0.0, "view"),
    ]
    _write_batch(spark, src, rows)
    batch = spark.createDataFrame(rows, SCHEMA).filter(F.col("user_id") < 99)

    def agg(frame, horizon):
        return (
            frame.groupBy(
                F.col("user_id"), F.window("ts", horizon).alias("w")
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("s"),
            )
            .select(
                "user_id", F.unix_micros("w.start").alias("ws"), "n", "s"
            )
        )

    for horizon in ("5 minutes", "30 minutes"):
        tag = horizon.split(" ")[0] + "m"
        stream = read_file_stream(spark, src, SCHEMA).withWatermark(
            "ts", "1 minute"
        )
        out = str(tmp_path / f"out_{tag}")
        q = (
            agg(stream, horizon)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["ws"]): (r["n"], r["s"])
            for r in spark.read.parquet(out).collect()
            if r["user_id"] != 99
        }
        want = {
            (r["user_id"], r["ws"]): (r["n"], r["s"])
            for r in agg(batch, horizon).collect()
        }
        assert got == want, f"stream/batch divergence at {horizon}"

    # tie to the oracled per-event frame: trailing counts at each cluster's
    # last event equal the aligned bucket counts in this data regime
    mh = {
        r["event_id"]: r
        for r in multi_horizon_counts(batch, "user_id").collect()
    }
    assert (mh[3]["cnt_5m"], mh[3]["cnt_30m"]) == (3, 3)   # cluster A
    assert (mh[5]["cnt_5m"], mh[5]["cnt_30m"]) == (2, 2)   # cluster B
    assert (mh[7]["cnt_5m"], mh[7]["cnt_30m"]) == (2, 2)   # user 2


def test_trending_topk_stream_matches_batch(spark, tmp_path):
    """Every window the trending stream finalizes must carry exactly the
    batch-computed top-3 (append mode ⇒ a window's batch has all its keys,
    so in-batch ranking is complete), with no window emitted twice."""
    import pyspark.sql.functions as F

    from streaming_feature_store_spark.sources.file import load_table
    from streaming_feature_store_spark.streaming.topk import (
        trending_topk_stream,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type"
    )
    src = str(tmp_path / "src")
    # several files so availableNow runs >1 micro-batch and the watermark
    # advances between them, finalizing most windows; RANGE-partitioned by
    # ts so later batches only carry newer events — out-of-orderness stays
    # inside the 30-minute delay and no event is watermark-dropped (a
    # random file order would legitimately drop stragglers and the counts
    # would diverge from batch)
    ev.repartitionByRange(8, "ts").write.parquet(src)
    out = str(tmp_path / "trending")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = trending_topk_stream(
        spark,
        stream,
        out,
        key_col="event_type",
        ts_col="ts",
        window="6 hours",
        k=3,
        delay="30 minutes",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).collect()
    assert got, "stream emitted no finalized windows"
    by_window = {}
    for r in got:
        by_window.setdefault(r["window_start_s"], []).append(
            (r["rank"], r["event_type"], r["cnt"])
        )
    expected_all = (
        ev.groupBy(
            F.window("ts", "6 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("long").alias("ws"), "event_type", "cnt"
        )
        .collect()
    )
    exp_by_window = {}
    for r in expected_all:
        exp_by_window.setdefault(r["ws"], []).append((r["event_type"], r["cnt"]))
    for ws, rows in by_window.items():
        top = sorted(exp_by_window[ws], key=lambda t: (-t[1], t[0]))[:3]
        want = [(i + 1, t, c) for i, (t, c) in enumerate(top)]
        assert sorted(rows) == want, (ws, rows, want)
        assert len(rows) == len({r[0] for r in rows})  # one rank each


@pytest.mark.slow
def test_streaming_hll_rollup_matches_batch(spark, tmp_path):
    """VERDICT r3 item #6: per-micro-batch HLL sketch partials appended in
    foreachBatch, merged at read time, must equal the batch q108-style
    estimate on the same data — and stay correct when the same partial is
    appended twice (union idempotency = effectively-once for free)."""
    from streaming_feature_store_spark.streaming.sketches import (
        compact_partials,
        hll_estimate,
        hll_partials_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # three files -> maxFilesPerTrigger=1 forces three micro-batches,
    # spanning two days and overlapping user sets across batches
    _write_batch(
        spark,
        src,
        [(i, i % 7, BASE + dt.timedelta(minutes=i), 1.0, "view") for i in range(20)],
    )
    _write_batch(
        spark,
        src,
        [(100 + i, i % 11, BASE + dt.timedelta(minutes=i), 1.0, "buy")
         for i in range(20)],
    )
    _write_batch(
        spark,
        src,
        [(200 + i, 50 + i, BASE + dt.timedelta(days=1, minutes=i), 1.0, "view")
         for i in range(5)],
    )

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = hll_partials_stream(spark, stream, out, checkpoint=ckpt)
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2  # really merged

    batch_truth = {
        r["day"]: r["n"]
        for r in spark.createDataFrame(
            [(i, i % 7, BASE + dt.timedelta(minutes=i), 1.0, "view") for i in range(20)]
            + [(100 + i, i % 11, BASE + dt.timedelta(minutes=i), 1.0, "buy")
               for i in range(20)]
            + [(200 + i, 50 + i, BASE + dt.timedelta(days=1, minutes=i), 1.0, "view")
               for i in range(5)],
            SCHEMA,
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {r["day"]: r["est"] for r in hll_estimate(spark, out, "day").collect()}
    # at these cardinalities (11 and 55 distinct) lgK=12 HLL is exact
    assert est == batch_truth

    # idempotency: re-append an existing partial (a replayed batch) — the
    # union must not change any estimate
    one = spark.read.parquet(out).limit(1)
    one.write.mode("append").parquet(out)
    est2 = {r["day"]: r["est"] for r in hll_estimate(spark, out, "day").collect()}
    assert est2 == batch_truth

    # weekly horizon unions across days; compaction preserves estimates
    wk = hll_estimate(spark, out, "week").collect()
    assert sum(r["est"] for r in wk) >= max(batch_truth.values())
    gen2 = str(tmp_path / "partials_gen2")
    compact_partials(spark, out, gen2)
    est3 = {r["day"]: r["est"] for r in hll_estimate(spark, gen2, "day").collect()}
    assert est3 == batch_truth


def test_streaming_kll_quantile_matches_batch(spark, tmp_path):
    """Generic sketch-partial stream with a RANK sketch (KLL): per-batch
    quantile partials merged at read time must match the batch KLL median
    on the same data, and a replayed partial must be neutralized by the
    (day, batch_id) dedup — KLL union, unlike HLL/theta, is not
    value-idempotent."""
    from streaming_feature_store_spark.streaming.sketches import (
        merge_estimate,
        sketch_partials_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    rows1 = [(i, 1, BASE + dt.timedelta(minutes=i), float(i), "view")
             for i in range(50)]
    rows2 = [(100 + i, 2, BASE + dt.timedelta(minutes=i), float(50 + i), "view")
             for i in range(50)]
    _write_batch(spark, src, rows1)
    _write_batch(spark, src, rows2)

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = sketch_partials_stream(
        spark, stream, out, "kll_sketch_agg_double(value)", checkpoint=ckpt
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2

    est_sql = "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)"
    streamed = merge_estimate(spark, out, est_sql).collect()[0]["est"]
    batch = (
        spark.createDataFrame(rows1 + rows2, SCHEMA)
        .agg(F.expr(
            "kll_sketch_get_quantile_double(kll_sketch_agg_double(value), 0.5)"
        ).alias("m"))
        .collect()[0]["m"]
    )
    assert streamed == batch

    # replay: duplicate one partial row. Without dedup the re-weighted
    # merge may move the median; with the (day, batch_id) dedup it cannot.
    spark.read.parquet(out).limit(1).write.mode("append").parquet(out)
    replayed = merge_estimate(spark, out, est_sql, dedup_replays=True).collect()
    assert replayed[0]["est"] == batch


@pytest.mark.slow
def test_streaming_priority_sample_matches_batch(spark, tmp_path):
    """The Sequential-Poisson sample is a mergeable summary: per-batch
    top-k candidate partials re-ranked at read time must select the
    IDENTICAL rows as the batch sampler over all streamed rows — and a
    replayed partial must change nothing (id dedup -> same priority)."""
    from streaming_feature_store_spark.operators.curation import (
        weighted_priority_sample,
    )
    from streaming_feature_store_spark.streaming.sketches import (
        priority_sample_merge,
        priority_sample_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    rows = []
    for b in range(3):
        batch = [
            (b * 1000 + i, i % 5, BASE + dt.timedelta(minutes=i),
             float((i * 7 + b) % 23), "view" if i % 3 else "buy")
            for i in range(40)
        ]
        rows += batch
        _write_batch(spark, src, batch)

    w_sql = "greatest(coalesce(value, 0.0), 0.0) + 1.0"
    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = priority_sample_stream(
        spark, stream, out, k=7, weight_sql=w_sql,
        id_col="event_id", strata_col="event_type", checkpoint=ckpt,
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2

    got = {
        (r["event_type"], r["event_id"], r["samp_rank"])
        for r in priority_sample_merge(
            spark, out, 7, "event_id", "event_type"
        ).collect()
    }
    batch_df = spark.createDataFrame(rows, SCHEMA)
    want = {
        (r["event_type"], r["event_id"], r["samp_rank"])
        for r in weighted_priority_sample(
            batch_df, 7, F.expr(w_sql), "event_id", "event_type"
        ).select("event_type", "event_id", "samp_rank").collect()
    }
    assert got == want

    # replay: duplicate one partial file's rows -> merged sample unchanged
    partials.limit(3).write.mode("append").parquet(out)
    got2 = {
        (r["event_type"], r["event_id"], r["samp_rank"])
        for r in priority_sample_merge(
            spark, out, 7, "event_id", "event_type"
        ).collect()
    }
    assert got2 == want


@pytest.mark.slow
def test_streaming_daily_metric_feeds_cusum(spark, tmp_path):
    """The monitor feed: per-batch (day, count) partials merged at read
    time must give the same CUSUM series as drift.cusum_changepoint over
    the raw events — and a replayed partial must change nothing."""
    from streaming_feature_store_spark.operators.drift import (
        cusum_changepoint,
    )
    from streaming_feature_store_spark.streaming.sketches import (
        daily_metric_series,
        daily_metric_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    rows = []
    for b in range(3):
        batch = [
            (b * 1000 + i, i % 5,
             BASE + dt.timedelta(days=(i + b) % 4, minutes=i), 1.0, "view")
            for i in range(30)
        ]
        rows += batch
        _write_batch(spark, src, batch)

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = daily_metric_stream(spark, stream, out, checkpoint=ckpt)
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2
    # same day split across batches -> merge is load-bearing
    assert partials.groupBy("day").count().filter("count > 1").count() > 0

    def cusum_rows(daily):
        import pyspark.sql.functions as SF
        from pyspark.sql import Window as W

        mean = SF.avg("m").over(W.partitionBy())
        run = W.partitionBy().orderBy("day").rowsBetween(
            W.unboundedPreceding, 0
        )
        return sorted(
            (str(r["day"]), r["c"])
            for r in daily.select(
                "day",
                (SF.round(SF.sum(SF.col("m") - mean).over(run), 6) + SF.lit(0.0)).alias("c"),
            ).collect()
        )

    got = cusum_rows(daily_metric_series(spark, out).select("day", "m"))
    batch_truth = cusum_rows(
        cusum_changepoint(spark.createDataFrame(rows, SCHEMA))
        .select("day", F.col("daily_metric").alias("m"))
    )
    assert got == batch_truth

    # replay a partial -> dedup on (day, batch_id) keeps the series fixed
    partials.limit(2).write.mode("append").parquet(out)
    got2 = cusum_rows(daily_metric_series(spark, out).select("day", "m"))
    assert got2 == batch_truth


@pytest.mark.slow
def test_streaming_algebraic_partials_match_batch(spark, tmp_path):
    """r7 verdict item #7: the incremental state-merge family (q194)
    carries the same stream ≡ batch replay proof as the sketches —
    per-micro-batch ALGEBRAIC partials (exact decimal n/Σx/Σx²/min/max)
    appended in foreachBatch, merged at read time, must equal the direct
    one-pass aggregation over all raw rows, and stay equal when a
    replayed micro-batch re-appends its state rows (provenance dedup =
    the algebraic twin of sketch-union idempotency)."""
    from streaming_feature_store_spark.streaming.sketches import (
        algebraic_partials_stream,
        merged_algebraic_view,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "alg_partials")
    ckpt = str(tmp_path / "alg_ckpt")
    os.makedirs(src)

    rows = (
        [(i, i % 5, BASE + dt.timedelta(minutes=i), float(i % 7) + 0.25, "view")
         for i in range(24)]
        + [(100 + i, i % 3, BASE + dt.timedelta(minutes=i), 2.5 * i, "buy")
           for i in range(18)]
        + [(200 + i, 2 + i % 4, BASE + dt.timedelta(days=1, minutes=i),
            -1.5 + i, "view") for i in range(10)]
    )
    # three files -> maxFilesPerTrigger=1 forces three micro-batches
    for lo, hi in ((0, 24), (24, 42), (42, 52)):
        _write_batch(spark, src, rows[lo:hi])

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = algebraic_partials_stream(spark, stream, out, checkpoint=ckpt)
    q.awaitTermination(120)

    partials = spark.read.parquet(out)
    assert partials.select("batch_id").distinct().count() >= 2

    def view():
        return {
            r["user_id"]: (
                r["n_rows"], r["value_sum"], r["value_mean"],
                r["value_var"], r["vmin"], r["vmax"],
            )
            for r in merged_algebraic_view(spark, out, ["user_id"]).collect()
        }

    batch_truth = {
        r["user_id"]: (
            r["n_rows"], r["value_sum"], r["value_mean"],
            r["value_var"], r["vmin"], r["vmax"],
        )
        for r in spark.createDataFrame(rows, SCHEMA)
        .groupBy("user_id")
        .agg(
            F.count("value").alias("n_rows"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("value_sum"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                / F.count("value"),
                6,
            ).alias("value_mean"),
            F.round(
                F.when(
                    F.count("value") > 1,
                    (
                        F.sum(
                            (F.col("value") * F.col("value")).cast(
                                "decimal(38,8)"
                            )
                        ).cast("double")
                        - F.sum(F.col("value").cast("decimal(18,4)"))
                        .cast("double")
                        * F.sum(F.col("value").cast("decimal(18,4)")).cast(
                            "double"
                        )
                        / F.count("value")
                    )
                    / (F.count("value") - 1),
                ),
                4,
            ).alias("value_var"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert view() == batch_truth

    # replay: re-append one micro-batch's state rows verbatim (what a
    # checkpoint-restart redelivery produces) — the provenance dedup must
    # keep the merged view bit-identical
    replay = spark.read.parquet(out).filter(F.col("batch_id") == 0)
    assert replay.count() > 0
    replay.write.mode("append").parquet(out)
    assert view() == batch_truth


@pytest.mark.slow
def test_minhash_index_stream_matches_batch(spark, tmp_path):
    """Streaming incremental dedup twin (round 9): documents arrive in
    micro-batches, each foreachBatch merges against the persisted MinHash
    index snapshot; after the stream drains, the union of per-batch pair
    outputs ≡ one batch minhash_near_dups over all docs, and the latest
    index snapshot answers like a fresh build."""
    from streaming_feature_store_spark.operators.dedup import (
        minhash_index_pairs,
        minhash_near_dups,
    )
    from streaming_feature_store_spark.streaming.dedup import (
        minhash_index_sink,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "spark shuffles partition data across executors by key ranges"),
        (4, "the quick brown fox jumps over the lazy cat again and again"),
        (5, "spark shuffles partition data across executors by hash ranges"),
        (6, "completely novel sentence about feature stores and latency"),
        (7, "the quick brown fox jumps over the lazy dog again and again"),
        (8, "completely novel sentence about feature stores and freshness"),
    ]
    batches = [docs[0:3], docs[3:6], docs[6:8]]  # near-dups straddle batches
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for bi, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    index_root = str(tmp_path / "mhidx")
    pairs_root = str(tmp_path / "mhpairs")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            minhash_index_sink(index_root, pairs_root, threshold=0.3)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(os.listdir(index_root)) >= 3  # one snapshot per batch

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_near_dups(all_docs, threshold=0.3).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in spark.read.parquet(pairs_root).collect()
    }
    assert got == want and len(want) >= 3
    latest = max(
        int(d.split("=")[1]) for d in os.listdir(index_root)
    )
    snap = spark.read.parquet(f"{index_root}/v={latest}")
    fresh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_index_pairs(snap, threshold=0.3).collect()
    }
    assert fresh == want


def test_fingerprint_index_stream_screens_recrawls(spark, tmp_path):
    """Streaming exact-dup ingest screen: a doc re-delivered in a LATER
    micro-batch flags as a corpus dup of the earlier representative; the
    final index snapshot equals a batch exact_dup_groups over all docs."""
    from streaming_feature_store_spark.operators.dedup import (
        exact_dup_groups,
    )
    from streaming_feature_store_spark.streaming.dedup import (
        fingerprint_index_sink,
    )

    batches = [
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        [(3, "alpha beta gamma"), (4, "eta theta iota")],   # 3 re-crawls 1
        [(5, "delta epsilon zeta"), (6, "alpha beta gamma")],  # both dups
    ]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    index_root = str(tmp_path / "fpidx")
    screen_root = str(tmp_path / "fpscreen")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            fingerprint_index_sink(index_root, screen_root)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["is_corpus_dup"], r["match_id"])
        for r in spark.read.parquet(screen_root).collect()
    }
    # file-stream batch order is not a contract, but each text's FIRST
    # arrival must be novel and every later arrival must flag with a
    # lower-id representative
    by_text = {1: "a", 3: "a", 6: "a", 2: "d", 5: "d", 4: "e"}
    firsts = {}
    for doc in sorted(got):
        t = by_text[doc]
        if t not in firsts:
            firsts[t] = doc
    for doc, (dup, match) in got.items():
        if doc == firsts[by_text[doc]]:
            assert not dup and match is None, (doc, got)
        else:
            assert dup and match is not None and match < doc, (doc, got)
    latest = max(int(d.split("=")[1]) for d in os.listdir(index_root))
    snap = {
        r["fingerprint"]: (r["dup_count"], r["first_doc_id"])
        for r in spark.read.parquet(f"{index_root}/v={latest}").collect()
    }
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    want = {
        r["fingerprint"]: (r["dup_count"], r["first_doc_id"])
        for r in exact_dup_groups(all_docs).collect()
    }
    assert snap == want


def test_prune_snapshots_keeps_newest(spark, tmp_path):
    from streaming_feature_store_spark.commit import sweep as prune_snapshots

    root = str(tmp_path / "idx")
    for v in (1, 3, 5, 9):
        spark.createDataFrame([(v,)], "x long").write.parquet(
            f"{root}/v={v}"
        )
    assert prune_snapshots(root, keep_last=2) == [1, 3]
    assert sorted(os.listdir(root)) == ["v=5", "v=9"]
    assert spark.read.parquet(f"{root}/v=9").collect()[0]["x"] == 9
    assert prune_snapshots(str(tmp_path / "absent")) == []


@pytest.mark.slow
def test_streaming_histogram_partials_match_batch(spark, tmp_path):
    """Round-9: the persisted drift baseline (q225 family) carries the
    same stream ≡ batch replay proof as the sketch/algebraic logs —
    per-micro-batch fixed-edge bucket counts appended in foreachBatch,
    merged at read time, must equal histogram_index over all raw rows,
    stay equal when a replayed micro-batch re-appends its rows
    (provenance dedup), and feed psi_from_histograms directly."""
    from streaming_feature_store_spark.operators.drift import (
        histogram_index,
        psi_from_histograms,
    )
    from streaming_feature_store_spark.streaming.sketches import (
        histogram_partials_stream,
        merged_histogram_view,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "hist_partials")
    ckpt = str(tmp_path / "hist_ckpt")
    os.makedirs(src)

    specs = {"value": [2.0, 5.0, 9.0]}
    rows = [
        (i, i % 5, BASE + dt.timedelta(minutes=i), float(i % 13) - 1.0, "view")
        for i in range(60)
    ]
    for lo, hi in ((0, 25), (25, 45), (45, 60)):
        _write_batch(spark, src, rows[lo:hi])

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = histogram_partials_stream(spark, stream, out, specs, checkpoint=ckpt)
    q.awaitTermination(120)

    def view():
        return {
            (r["feature"], r["bucket"]): r["n"]
            for r in merged_histogram_view(spark, out).collect()
        }

    batch_truth = {
        (r["feature"], r["bucket"]): r["n"]
        for r in histogram_index(
            spark.createDataFrame(rows, SCHEMA), specs
        ).collect()
    }
    assert view() == batch_truth

    # replay: re-append one batch's rows byte-identically -> unchanged
    partials = spark.read.parquet(out)
    one = partials.filter(
        F.col("batch_id") == partials.agg(F.min("batch_id")).collect()[0][0]
    )
    one.write.mode("append").parquet(out)
    assert view() == batch_truth

    # the merged view IS a baseline: psi against itself = 0 per feature
    psi_rows = psi_from_histograms(
        merged_histogram_view(spark, out), merged_histogram_view(spark, out)
    ).collect()
    assert [r["psi"] for r in psi_rows] == [0.0]


@pytest.mark.slow
def test_streaming_session_index_matches_batch(spark, tmp_path):
    """Round-9 session 2: the persisted session table maintained by
    session_index_sink over event-time-ordered micro-batches must equal
    one batch sessionize over all events — including sessions that
    straddle micro-batch boundaries — and a replayed batch must leave
    the snapshot unchanged (retry re-reads the pre-batch snapshot)."""
    from streaming_feature_store_spark.operators.sessions import sessionize
    from streaming_feature_store_spark.streaming.sessions import (
        session_index_sink,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "sess_idx")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src)

    rows = (
        # day 1: user 1 has a session ending 23:50 (open at midnight)
        [(i, 1, BASE + dt.timedelta(hours=23, minutes=40 + 5 * i), 1.0,
          "view") for i in range(3)]
        + [(10 + i, 2, BASE + dt.timedelta(hours=3, minutes=40 * i), 2.0,
            "view") for i in range(3)]
        # day 2: user 1 continues at 00:10 (bridges the batch boundary),
        # user 3 is new
        + [(20, 1, BASE + dt.timedelta(days=1, minutes=10), 1.0, "view"),
           (21, 3, BASE + dt.timedelta(days=1, hours=9), 3.0, "view")]
        # day 3: everyone again, plus a gap-boundary event for user 2
        + [(30, 2, BASE + dt.timedelta(days=2, hours=1), 2.0, "view"),
           (31, 1, BASE + dt.timedelta(days=2, hours=1, minutes=20), 1.0,
            "view")]
    )
    for lo, hi in ((0, 6), (6, 8), (8, 10)):
        _write_batch(spark, src, rows[lo:hi])

    stream = read_file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = stream.writeStream.outputMode("append").foreachBatch(
        session_index_sink(idx, "user_id")
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    import re as _re

    versions = sorted(
        int(m.group(1)) for d in os.listdir(idx)
        if (m := _re.fullmatch(r"v=(\d+)", d))
    )
    assert len(versions) >= 2
    got = {
        (r["user_id"], r["n_events"], r["session_start_us"],
         r["session_end_us"])
        for r in spark.read.parquet(f"{idx}/v={versions[-1]}").collect()
    }
    want = {
        (r["user_id"], r["n_events"], r["session_start_us"],
         r["session_end_us"])
        for r in sessionize(
            spark.createDataFrame(rows, SCHEMA), "user_id"
        ).collect()
    }
    assert got == want
    # user 1's day-1 tail and day-2 00:10 event merged across batches
    assert any(u == 1 and n == 4 for (u, n, _s, _e) in got)

    # replay the LAST batch against its pre-batch snapshot: byte-equal
    from streaming_feature_store_spark.streaming.sessions import (
        session_index_sink as mk,
    )

    handler = mk(idx, "user_id")
    last_batch = spark.createDataFrame(rows[8:10], SCHEMA)
    handler(last_batch, versions[-1] - 1)  # same batch_id as the real run
    got2 = {
        (r["user_id"], r["n_events"], r["session_start_us"],
         r["session_end_us"])
        for r in spark.read.parquet(f"{idx}/v={versions[-1]}").collect()
    }
    assert got2 == want


def _rand_vecs(n, dim=4, seed=11, offset=0):
    import random

    rng = random.Random(seed)
    return [
        (offset + i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(n)
    ]


@pytest.mark.slow
def test_ivf_index_stream_matches_batch_build(spark, tmp_path):
    """Streaming IVF maintenance (round 10): vectors arrive in
    micro-batches; the first batch trains centroids and seeds snapshot
    v=1; later batches assign to the FIXED centroids and version new
    snapshots.  Post-drain, top-k from the newest snapshot must equal a
    one-shot save_ivf_index build over ALL vectors with the same
    centroids (rank-for-rank)."""
    from streaming_feature_store_spark.operators.similarity import (
        ivf_topk_persisted,
        save_ivf_index,
    )
    from streaming_feature_store_spark.streaming.dedup import ivf_index_sink

    vecs = _rand_vecs(36)
    batches = [vecs[0:12], vecs[12:24], vecs[24:36]]
    src = str(tmp_path / "vecs")
    os.makedirs(src)
    for rows in batches:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)
    root = str(tmp_path / "ivfidx")
    q = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(ivf_index_sink(root, nlist=4))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(os.listdir(root)) >= 3  # one snapshot per batch

    queries = spark.createDataFrame(
        vecs[:5], "vec_id long, embedding array<double>"
    )
    got = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in ivf_topk_persisted(
            spark, root, queries, k=2, nprobe=2
        ).collect()
    }
    # batch build over all vectors with the STREAM's centroids
    cent = (
        spark.read.parquet(f"{root}/v=1/centroids")
        .orderBy("cell")
        .select(F.col("vec").alias("embedding"))
    )
    all_vecs = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    path2 = str(tmp_path / "ivfbatch")
    save_ivf_index(all_vecs, path2, nlist=4, centroids=cent)
    want = {
        (r["query_id"], r["rank"]): (r["nbr_id"], r["cosine"])
        for r in ivf_topk_persisted(
            spark, path2, queries, k=2, nprobe=2
        ).collect()
    }
    assert got == want and len(want) == 10


def test_ivf_index_sink_retry_rereads_prebatch_snapshot(spark, tmp_path):
    """The retry-idempotence contract: a retried batch must re-merge
    against the PRE-batch snapshot even though its crashed attempt
    already wrote v=<id+1> — replaying handler(b1, 1) twice leaves v=2
    identical (no duplicated vectors)."""
    from streaming_feature_store_spark.streaming.dedup import ivf_index_sink

    handle = ivf_index_sink(str(tmp_path / "idx"), nlist=2)
    b0 = spark.createDataFrame(
        _rand_vecs(8), "vec_id long, embedding array<double>"
    )
    b1 = spark.createDataFrame(
        _rand_vecs(6, seed=12, offset=100),
        "vec_id long, embedding array<double>",
    )
    handle(b0, 0)
    handle(b1, 1)          # crashed attempt: v=2 exists
    handle(b1, 1)          # retry must read v=1, not v=2
    snap = spark.read.parquet(str(tmp_path / "idx/v=2/cells"))
    ids = [r["nbr_id"] for r in snap.collect()]
    assert sorted(ids) == sorted(set(ids)) and len(ids) == 14


def _docs_batch(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "nav bar\nspark shuffles data all day"),
        ],
        "doc_id long, text string",
    )


def _vecs_batch(spark):
    return spark.createDataFrame(
        _rand_vecs(8), "vec_id long, embedding array<double>"
    )


def _events_batch(spark):
    return spark.createDataFrame(
        [
            (1, 1, BASE, 1.0, "view"),
            (2, 1, BASE + dt.timedelta(minutes=5), 1.0, "view"),
            (3, 2, BASE + dt.timedelta(hours=2), 2.0, "view"),
        ],
        SCHEMA,
    )


def _decontam_sink(spark, root, _side):
    from streaming_feature_store_spark.operators.curation import (
        decontam_index,
    )

    eval_index = f"{root}_eval"
    decontam_index(_docs_batch(spark), n=4).write.parquet(eval_index)
    return dedup.decontam_hits_sink(root, eval_index, n=4)


# factory -> (handler from (spark, root, side_root), seeding batch,
#             snapshot dir under root, writes side_root/batch=<id>)
_SNAPSHOT_SINKS = {
    "minhash_index_sink": (
        lambda s, r, side: dedup.minhash_index_sink(r, side),
        _docs_batch, "", True,
    ),
    "fingerprint_index_sink": (
        lambda s, r, side: dedup.fingerprint_index_sink(r, side),
        _docs_batch, "", True,
    ),
    "winnow_index_sink": (
        lambda s, r, side: dedup.winnow_index_sink(r, side),
        _docs_batch, "", True,
    ),
    "ivf_index_sink": (
        lambda s, r, side: dedup.ivf_index_sink(r, nlist=2),
        _vecs_batch, "", False,
    ),
    "stats_index_sink": (
        lambda s, r, side: dedup.stats_index_sink(r),
        _docs_batch, "", False,
    ),
    "postings_index_sink": (
        lambda s, r, side: dedup.postings_index_sink(r),
        _docs_batch, "", False,
    ),
    "line_freq_index_sink": (
        lambda s, r, side: dedup.line_freq_index_sink(r),
        _docs_batch, "", False,
    ),
    "ngram_df_index_sink": (
        lambda s, r, side: dedup.ngram_df_index_sink(r, n=3),
        _docs_batch, "", False,
    ),
    "decontam_hits_sink": (_decontam_sink, _docs_batch, "", False),
    "session_index_sink": (
        lambda s, r, side: sessions.session_index_sink(r, "user_id"),
        _events_batch, "", False,
    ),
}


@pytest.mark.parametrize("name", list(_SNAPSHOT_SINKS))
def test_index_sink_empty_batch_writes_nothing(spark, tmp_path, name):
    """An empty micro-batch leaves every snapshot index sink untouched:
    no ``v=<id+1>`` snapshot and no ``batch=<id>`` side output."""
    make, batch, sub, has_side = _SNAPSHOT_SINKS[name]
    root, side = str(tmp_path / "idx"), str(tmp_path / "side")
    handle = make(spark, root, side)
    seed = batch(spark)
    handle(seed, 0)
    handle(seed.limit(0), 1)
    assert sorted(os.listdir(root + sub)) == ["v=1"]
    if has_side:
        assert sorted(os.listdir(side)) == ["batch=0"]
    else:
        assert not os.path.exists(side)


@pytest.mark.slow
def test_stats_and_postings_index_streams_match_batch(spark, tmp_path):
    """Streaming maintenance of the corpus-statistics and postings
    indexes (round 10): documents arrive in micro-batches; post-drain,
    the newest snapshot of each index equals the one-shot batch build
    over all documents."""
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
        postings_index,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot
    from streaming_feature_store_spark.streaming.dedup import (
        postings_index_sink,
        stats_index_sink,
    )

    docs = [
        (1, "the quick brown fox"), (2, "jumps over the lazy dog"),
        (3, "spark shuffles data"), (4, "the quick red fox"),
        (5, "dog and fox and spark"), (6, None), (7, "one"),
    ]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for rows in (docs[0:3], docs[3:5], docs[5:7]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    sroot, proot = str(tmp_path / "stats"), str(tmp_path / "postings")

    def run(sink, ckpt):
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(stats_index_sink(sroot), "ckpt_s")
    run(postings_index_sink(proot), "ckpt_p")

    def canon(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    vs = _latest_snapshot(sroot, None)
    assert canon(spark.read.parquet(f"{sroot}/v={vs}")) == canon(
        corpus_stats_index(all_docs)
    )
    vp = _latest_snapshot(proot, None)
    assert canon(spark.read.parquet(f"{proot}/v={vp}")) == canon(
        postings_index(all_docs)
    )

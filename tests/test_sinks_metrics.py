"""Retention/TTL delete (T10), streaming metrics listener (T9), P12 string
re-typing, and M16 in-pipeline scoring (model applied inside foreachBatch —
no HTTP hop, unlike the reference's stream_processor.py:222-246)."""

import datetime as dt
import json
import os
import shutil
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from streaming_feature_store_spark.functions.exprs import coerce_typed_strings
from streaming_feature_store_spark.streaming.sinks import (
    BUCKETS_RECORD,
    _recorded_buckets,
    _write_bucket_record,
    retention_delete,
    retention_drop_partitions,
    upsert_latest,
)
from streaming_feature_store_spark.streaming.watermarks import MetricsListener

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def test_upsert_latest_merge_semantics(spark, tmp_path):
    """S7 latest-view MERGE semantics: newest-ts wins, untouched keys
    survive, re-applying a batch is a no-op (idempotency)."""
    path = str(tmp_path / "latest_parquet")

    b1 = spark.createDataFrame(
        [(1, 100, 10.0), (2, 100, 20.0), (3, 100, 30.0)],
        "user_id long, window_start_s long, score double",
    )
    upsert_latest(spark, b1, path, ["user_id"], "window_start_s")
    b2 = spark.createDataFrame(
        [(2, 200, 21.0), (3, 50, 99.0)],  # 2 newer (wins), 3 older (loses)
        "user_id long, window_start_s long, score double",
    )
    upsert_latest(spark, b2, path, ["user_id"], "window_start_s")

    def snap():
        return {
            r["user_id"]: (r["window_start_s"], r["score"])
            for r in spark.read.parquet(path).collect()
        }

    got = snap()
    assert got[1] == (100, 10.0)   # untouched by batch 2
    assert got[2] == (200, 21.0)   # newer incoming won
    assert got[3] == (100, 30.0)   # older incoming lost
    upsert_latest(spark, b2, path, ["user_id"], "window_start_s")
    assert snap() == got           # idempotent re-apply

    # an empty batch writes nothing
    before = _view_files(path)
    assert upsert_latest(spark, b2.limit(0), path, ["user_id"], "window_start_s") is False
    assert _view_files(path) == before

    # a key whose bucket has no dir yet gets one (3 keys leave one of the
    # session's 4 buckets empty); other buckets keep their files byte for byte
    n = _recorded_buckets(path)
    assert n == spark.sparkContext.defaultParallelism == 4
    new_key = next(k for k in range(4, 10_000) if f"_bucket={_bucket_of(spark, k, n)}" not in before)
    b3 = spark.createDataFrame([(new_key, 300, 4.0)], "user_id long, window_start_s long, score double")
    assert upsert_latest(spark, b3, path, ["user_id"], "window_start_s") is True
    after = _view_files(path)
    assert {d: f for d, f in after.items() if d in before} == before
    (new_dir,) = set(after) - set(before)
    assert new_dir == f"_bucket={_bucket_of(spark, new_key, n)}" and len(after[new_dir]) == 1
    assert snap() == {**got, new_key: (300, 4.0)}

    # leftovers of an interrupted write hold a newer row for key 2 in its
    # bucket; the writer skips them as every reader does
    stale = str(tmp_path / "stale")
    spark.createDataFrame(
        [(2, 999, -1.0)], "user_id long, window_start_s long, score double"
    ).coalesce(1).write.parquet(stale)
    stale_file = next(os.path.join(stale, f) for f in os.listdir(stale) if f.endswith(".parquet"))
    for junk in ("_temporary/0", ".spark-staging-x"):
        d = os.path.join(path, junk, f"_bucket={_bucket_of(spark, 2, n)}")
        os.makedirs(d)
        shutil.copy(stale_file, d)
    b4 = spark.createDataFrame([(2, 300, 22.0)], "user_id long, window_start_s long, score double")
    assert upsert_latest(spark, b4, path, ["user_id"], "window_start_s") is True
    assert snap() == {**got, new_key: (300, 4.0), 2: (300, 22.0)}
    assert all(len(f) == 1 for f in _view_files(path).values())  # one file per bucket


def _bucket_of(spark, key: int, n_buckets: int) -> int:
    """The bucket ``upsert_latest`` puts a long key in, in a view that
    records ``n_buckets``."""
    return spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(str(key))), F.lit(n_buckets))
    ).first()[0]


def _view_files(path: str) -> dict[str, dict[str, bytes]]:
    """Every visible ``_bucket=`` dir of a latest view → {file: bytes}."""
    return {
        d: {
            f.name: f.read_bytes()
            for f in Path(path, d).iterdir()
            if f.name.endswith(".parquet")
        }
        for d in os.listdir(path)
        if d.startswith("_bucket=")
    }


def _upsert(spark, path, rows):
    df = spark.createDataFrame(rows, "user_id long, window_start_s long, score double")
    return upsert_latest(spark, df, path, ["user_id"], "window_start_s")


def _latest_rows(spark, path) -> dict[int, tuple[int, float]]:
    rows = spark.read.parquet(path).collect()
    assert len(rows) == len({r["user_id"] for r in rows}), "duplicate keys"
    return {r["user_id"]: (r["window_start_s"], r["score"]) for r in rows}


def test_upsert_latest_hashes_with_recorded_count(spark, tmp_path):
    """A view made with 3 buckets keeps 3 in a session of parallelism 4:
    keys land in their ``pmod(xxhash64, 3)`` dirs, one row per key."""
    path = str(tmp_path / "latest")
    assert spark.sparkContext.defaultParallelism == 4
    first = [(k, 100, float(k)) for k in range(20)]
    spark.createDataFrame(first, "user_id long, window_start_s long, score double").withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(3)).cast("int")
    ).coalesce(1).write.partitionBy("_bucket").parquet(path)
    _write_bucket_record(path, 3)

    _upsert(spark, path, [(k, 200, -float(k)) for k in range(10, 30)])
    _upsert(spark, path, [(k, 300, 1.5) for k in range(25, 35)])

    assert _recorded_buckets(path) == 3
    want = {k: (100, float(k)) for k in range(10)}
    want.update({k: (200, -float(k)) for k in range(10, 25)})
    want.update({k: (300, 1.5) for k in range(25, 35)})
    assert _latest_rows(spark, path) == want
    dirs = _view_files(path)
    assert set(dirs) == {f"_bucket={b}" for b in range(3)}
    assert all(len(files) == 1 for files in dirs.values())
    for r in spark.read.parquet(path).collect():
        assert r["_bucket"] == _bucket_of(spark, r["user_id"], 3)


def test_upsert_latest_onto_record_only_view(spark, tmp_path):
    """A view dir holding only its record (a crash before the first data
    file) upserts as an empty view, with the recorded count."""
    path = str(tmp_path / "latest")
    _write_bucket_record(path, 2)
    assert os.listdir(path) == [BUCKETS_RECORD]
    assert _upsert(spark, path, [(k, 100, 1.0) for k in range(10)]) is True
    assert _latest_rows(spark, path) == {k: (100, 1.0) for k in range(10)}
    assert set(_view_files(path)) == {"_bucket=0", "_bucket=1"}
    assert _recorded_buckets(path) == 2


def test_upsert_latest_refuses_view_without_record(spark, tmp_path):
    """A view with data files but no bucket record raises, and is left as
    it was; it is never rehashed with the session's count."""
    path = str(tmp_path / "latest")
    spark.createDataFrame(
        [(1, 100, 1.0, 7)], "user_id long, window_start_s long, score double, _bucket int"
    ).write.partitionBy("_bucket").parquet(path)
    before = _view_files(path)
    with pytest.raises(ValueError, match=BUCKETS_RECORD):
        _upsert(spark, path, [(2, 100, 2.0)])
    assert _view_files(path) == before
    assert not os.path.exists(os.path.join(path, BUCKETS_RECORD))


def test_stream_sink_runs_stateful_plan_once_within_job_budget(spark, tmp_path, monkeypatch):
    """One micro-batch of ``start_feature_pipeline`` onto an existing view
    (one bucket per core of the session that made it): the stateful plan
    runs once, and ``upsert_latest`` runs at most 3 Spark jobs, none of
    them a parallel file listing."""
    import streaming_feature_store_spark.streaming.pipeline as pipeline
    from streaming_feature_store_spark.streaming.pipeline import (
        read_file_stream,
        start_feature_pipeline,
        windowed_features,
    )
    from tests.test_streaming import SCHEMA, _write_batch

    sc = spark.sparkContext
    latest, log, src = (str(tmp_path / n) for n in ("latest", "log", "src"))
    seed = [(u, u, BASE, 1.0, "view") for u in range(1000)]
    upsert_latest(spark, windowed_features(spark.createDataFrame(seed, SCHEMA)), latest, ["user_id"])
    assert len(_view_files(latest)) == _recorded_buckets(latest) == sc.defaultParallelism
    later = BASE + dt.timedelta(minutes=10)
    _write_batch(spark, src, [(u, u, later, 2.0, "click") for u in range(300)])

    store = sc._jsc.sc().statusStore()
    calls = []

    def budgeted(spark_, batch, *args, **kwargs):
        group = f"upsert-{len(calls)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            wrote = upsert_latest(spark_, batch, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        descs = []
        for j in sc.statusTracker().getJobIdsForGroup(group):
            d = store.job(j).description()
            descs.append(d.get() if d.isDefined() else "")
        calls.append((wrote, descs))
        return wrote

    monkeypatch.setattr(pipeline, "upsert_latest", budgeted)
    q = start_feature_pipeline(
        spark,
        read_file_stream(spark, src, SCHEMA),
        latest,
        log,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    written = [descs for wrote, descs in calls if wrote]
    assert len(written) == 1, calls
    assert len(written[0]) <= 3, written[0]
    assert not any(d.startswith("Listing leaf files") for d in written[0]), written[0]
    # the state operator's row metrics add up over every execution of
    # the batch's plan: a second pass counts its rows again
    (state,) = [
        json.loads(p.json)["stateOperators"][0]
        for p in q.recentProgress
        if p.numInputRows
    ]
    emitted = spark.read.parquet(log).count()
    assert emitted == 300 * 5  # 5 sliding windows per event
    assert state["numRowsUpdated"] == state["numRowsTotal"] == emitted, state
    view = spark.read.parquet(latest)
    assert view.count() == view.select("user_id").distinct().count() == 1000
    newest = view.agg(F.max("window_start_s")).first()[0]
    fresh = view.filter(F.col("window_start_s") == newest).select("user_id")
    assert sorted(r[0] for r in fresh.collect()) == list(range(300))


def test_retention_delete(spark, tmp_path):
    path = str(tmp_path / "log")
    now_s = 1_000_000
    spark.createDataFrame(
        [(1, now_s - 100), (2, now_s - 90_000), (3, now_s - 86_401)],
        "user_id long, window_start_s long",
    ).write.parquet(path)
    retention_delete(spark, path, "window_start_s", horizon_s=86_400, now_s=now_s)
    kept = sorted(r["user_id"] for r in spark.read.parquet(path).collect())
    assert kept == [1]  # 24h TTL: only the fresh row survives


def test_retention_delete_preserves_partition_layout(spark, tmp_path):
    """The TTL rewrite must keep the table's hive partition directories, or
    later dynamic-partition-overwrite merges lose their replace-only-touched
    invariants over the pre-retention rows."""
    path = str(tmp_path / "latest")
    now_s = 1_000_000
    spark.createDataFrame(
        [(1, now_s - 100, 3), (2, now_s - 200, 7), (3, now_s - 90_000, 3)],
        "user_id long, window_start_s long, _bucket int",
    ).write.partitionBy("_bucket").parquet(path)
    retention_delete(spark, path, "window_start_s", horizon_s=86_400, now_s=now_s)
    part_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("_bucket=")
    )
    assert part_dirs == ["_bucket=3", "_bucket=7"], part_dirs
    kept = sorted(r["user_id"] for r in spark.read.parquet(path).collect())
    assert kept == [1, 2]


def test_retention_delete_keeps_bucket_record(spark, tmp_path):
    """The TTL rewrite carries the view's bucket record across its swap,
    so a later upsert hashes with the same count: one row per key."""
    path = str(tmp_path / "latest")
    now_s = 1_000_000
    _upsert(spark, path, [(k, now_s - (100 if k % 2 else 90_000), 1.0) for k in range(20)])
    n = _recorded_buckets(path)
    retention_delete(spark, path, "window_start_s", horizon_s=86_400, now_s=now_s)
    assert _recorded_buckets(path) == n
    assert sorted(_latest_rows(spark, path)) == list(range(1, 20, 2))
    _upsert(spark, path, [(k, now_s, 2.0) for k in range(10)])
    want = {k: (now_s - 100, 1.0) for k in range(11, 20, 2)}
    want.update({k: (now_s, 2.0) for k in range(10)})
    assert _latest_rows(spark, path) == want


def test_retention_drop_partitions(spark, tmp_path):
    path = str(tmp_path / "log")
    spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 10)), (3, dt.date(2024, 1, 20))],
        "user_id long, _date date",
    ).write.partitionBy("_date").parquet(path)
    now_s = int(dt.datetime(2024, 1, 21).timestamp())
    dropped = retention_drop_partitions(path, horizon_s=5 * 86_400, now_s=now_s)
    assert sorted(dropped) == ["_date=2024-01-01", "_date=2024-01-10"]
    kept = sorted(r["user_id"] for r in spark.read.parquet(path).collect())
    assert kept == [3]  # whole-partition drop, no rewrite of survivors


def test_coerce_typed_strings(spark):
    df = spark.createDataFrame(
        [("1.5", "7", "True", "oops"), ("bad", "x", "false", "2")],
        "a string, b string, c string, d string",
    )
    out = coerce_typed_strings(
        df, {"a": "double", "b": "bigint", "c": "boolean", "d": "int"}
    ).collect()
    rows = {tuple(r) for r in out}
    assert (1.5, 7, True, None) in rows   # 'oops' → null, not an error
    assert (None, None, False, 2) in rows  # bad numerics → null


def test_metrics_listener_captures_progress(spark, tmp_path):
    from streaming_feature_store_spark.streaming.pipeline import (
        read_file_stream,
        start_feature_pipeline,
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, BASE, 1.0), (2, BASE + dt.timedelta(seconds=5), 2.0)], schema
    ).write.mode("append").parquet(src)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = read_file_stream(spark, src, schema)
        q = start_feature_pipeline(
            spark,
            stream,
            str(tmp_path / "latest"),
            str(tmp_path / "log"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
    finally:
        spark.streams.removeListener(listener)
    assert listener.progress, "listener saw no progress events"
    total_in = sum(p["numInputRows"] for p in listener.progress)
    assert total_in == 2
    assert any(p["watermark"] is not None for p in listener.progress)


def test_score_inside_foreach_batch(spark, tmp_path):
    """M16: model inference inside the streaming sink — scores land next to
    features in the latest view, no external scoring service."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )
    from streaming_feature_store_spark.ml.training import (
        TrainConfig, build_pipeline, score,
    )
    from streaming_feature_store_spark.streaming.pipeline import read_file_stream

    # tiny model on synthetic features
    train = spark.range(500).select(
        (F.rand(1) * 10).alias("value_sum"),
        (F.col("id") % 5 + 1).cast("double").alias("event_count"),
    ).withColumn("label", (F.col("value_sum") > 5).cast("int"))
    model = build_pipeline(
        TrainConfig(feature_cols=["value_sum", "event_count"], algorithm="lr")
    ).fit(train)

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, BASE, 9.0), (2, BASE + dt.timedelta(seconds=3), 1.0)], schema
    ).write.mode("append").parquet(src)

    out_path = str(tmp_path / "scored")

    def scoring_sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        scored = score(
            model, batch_df.withColumn("event_count", F.col("event_count").cast("double"))
        )
        scored.select("user_id", "window_start_s", "score").write.mode(
            "append"
        ).parquet(out_path)

    from streaming_feature_store_spark.streaming.pipeline import windowed_features

    feats = windowed_features(read_file_stream(spark, src, schema))
    q = (
        feats.writeStream.outputMode("update")
        .foreachBatch(scoring_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_path)
    assert rows.count() > 0
    assert rows.filter((F.col("score") < 0) | (F.col("score") > 1)).count() == 0


def test_with_observation_rides_along(spark):
    """observe() metrics must be collected by the SAME job that runs the
    query (no second scan) and report aggregate values for exactly the
    rows that flowed through."""
    import pyspark.sql.functions as F

    from streaming_feature_store_spark.sources.file import load_table
    from streaming_feature_store_spark.streaming.watermarks import (
        with_observation,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    observed, obs = with_observation(
        ev.filter(F.col("event_type") == "purchase"),
        "purchase_audit",
        {
            "n_rows": F.count(F.lit(1)),
            "value_sum": F.sum("value"),
            "null_values": F.sum(F.col("value").isNull().cast("long")),
        },
    )
    n_out = observed.count()  # the one and only action
    got = obs.get
    assert got["n_rows"] == n_out > 0
    expected_sum = (
        ev.filter(F.col("event_type") == "purchase").agg(F.sum("value")).first()[0]
    )
    assert abs(got["value_sum"] - expected_sum) < 1e-6
    assert got["null_values"] == 0


def test_quality_monitor_streams_rule_counters(spark, tmp_path):
    """quality_monitor counters must arrive per micro-batch through
    MetricsListener.observedMetrics and sum to the batch-side truth."""
    import time

    import pyspark.sql.functions as F

    from streaming_feature_store_spark.streaming.pipeline import (
        read_file_stream,
    )
    from streaming_feature_store_spark.streaming.watermarks import (
        MetricsListener,
        quality_monitor,
    )
    from tests.test_streaming import BASE, SCHEMA, _write_batch
    import datetime as dt

    src = str(tmp_path / "src")
    rows = [
        (1, 7, BASE + dt.timedelta(seconds=1), 50.0, "view"),
        (2, 7, BASE + dt.timedelta(seconds=2), -1.0, "view"),
        (3, 8, BASE + dt.timedelta(seconds=3), 250.0, "purchase"),
        (4, 8, BASE + dt.timedelta(seconds=4), 5.0, None),
    ]
    _write_batch(spark, src, rows)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = read_file_stream(spark, src, SCHEMA)
        monitored = quality_monitor(
            stream,
            {
                "negative_value": F.col("value") < 0,
                "value_above_200": F.col("value") > 200,
                "null_event_type": F.col("event_type").isNull(),
            },
        )
        q = (
            monitored.writeStream.outputMode("append")
            .format("noop")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        # listener delivery is async; progress events can trail stop()
        deadline = time.time() + 30
        totals = {}
        while time.time() < deadline:
            totals = {}
            for p in listener.progress:
                for k, v in (
                    p.get("observedMetrics", {}).get("quality") or {}
                ).items():
                    totals[k] = totals.get(k, 0) + v
            if totals.get("n_rows", 0) >= len(rows):
                break
            time.sleep(0.5)
        assert totals.get("n_rows") == 4
        assert totals.get("negative_value") == 1
        assert totals.get("value_above_200") == 1
        assert totals.get("null_event_type") == 1
    finally:
        spark.streams.removeListener(listener)
